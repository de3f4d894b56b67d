package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor / similarity search over an embedding column
 * (array<float>). Dot products are pure expression trees (zip_with +
 * aggregate) — codegen'd, no UDF — computed in double after an explicit
 * elementwise cast, left-fold order so results are bit-deterministic.
 */
object Similarity {

  /** Sequential-fold dot product of two array<numeric> columns, in
    * double — native kernel ([[graft.functions.DotProduct]]: the
    * zip_with+aggregate form runs interpreted HOF machinery per element;
    * the kernel is one loop with bit-identical arithmetic). */
  def dot(a: Column, b: Column): Column =
    graft.functions.exprToColumn(graft.functions.DotProduct(
      graft.functions.columnToExpr(a), graft.functions.columnToExpr(b)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero — single-pass
    * native kernel ([[graft.functions.CosineSim]]). The coalesce keeps
    * the combinator contract for null input arrays (when/otherwise
    * yielded 0.0, never null). */
  def cosine(a: Column, b: Column): Column =
    coalesce(graft.functions.exprToColumn(graft.functions.CosineSim(
      graft.functions.columnToExpr(a), graft.functions.columnToExpr(b))),
      lit(0.0))

  /**
   * Brute-force top-k by cosine against one query vector. One scan, one
   * narrow projection, a k-row total-order — the exact baseline every ANN
   * variant is measured against. At scale this is a single map + takeOrdered
   * shape (no shuffle of the full table: Spark turns the global sort + limit
   * into a TakeOrderedAndProject).
   */
  def bruteForceTopK(
      embeddings: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    embeddings
      .select(col(idCol).as("vec_id"), cosine(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * LSH-bucketed ANN (scale path): random-hyperplane signature — bit i is
   * sign(dot(v, h_i)) with h_i a deterministic +-1 hyperplane from the
   * splitmix64 family — probe only the query's bucket. At 100 TB the
   * bucket id becomes the partition key ([[AnnIndex.buildLsh]]): the
   * probe reads one bucket, not the corpus.
   */

  /** The +-1.0 hyperplane coefficient for (bit i, dim j) — public so the
    * DuckDB oracle SQL in QueriesText.ann_lsh_topk is generated from the
    * same constants the Spark plan uses. */
  def hyperplaneSign(i: Int, j: Int): Double =
    graft.functions.HyperplaneSig.sign(i, j)

  /** Signature column — native kernel ([[graft.functions.HyperplaneSig]]:
    * the bits x dims combinator expansion overflowed the 64 KB codegen
    * method limit and fell back to interpreted eval). `dims` is kept for
    * signature stability; the kernel reads the array length. */
  def hyperplaneSig(vec: Column, dims: Int, bits: Int): Column =
    graft.functions.exprToColumn(graft.functions.HyperplaneSig(
      graft.functions.columnToExpr(vec), bits))

  /**
   * ANN via hyperplane LSH: compute bucket sig for all vectors, keep only
   * vectors whose bucket is within `probeHamming` of the query's bucket,
   * then exact cosine top-k inside the probed set.
   *
   * `autoPlan` (production default, round 13 — the last fixed-parameter
   * ANN entry point to join the family): a fixed 12-bit ball verifies
   * ball(12,2)/4096 ~ 2% of the corpus per query (2M cosines at 100M
   * vectors); [[planLshProbe]] widens the signature with log2(n) and
   * re-picks the radius to hold the binomial recall at `targetCosine`,
   * and the widened signature rides the orthonormal plane family
   * ([[graft.functions.OrthoPlaneSig]]). No-op below the occupancy
   * threshold, so the ann_lsh_topk oracle replays the +-1 reference
   * signature bit-for-bit.
   *
   * COUNT-COST CAVEAT (round 14, advisor ask): the auto-plan needs the
   * corpus size, so each call runs one `count()` job — cheap row-group
   * metadata on a parquet-backed frame, but a full scan on a derived
   * frame (joins, transforms). Callers issuing MANY per-query calls over
   * the same corpus should pass `knownCount` (>= 0) to plan without the
   * job — or better, use the batched [[lshKnnJoin]], which plans once
   * for the whole query set. (Per-query probes over a PERSISTED corpus
   * should use [[AnnIndex]], where the plan is baked into the index.)
   */
  def lshTopK(
      embeddings: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, bits: Int = 12, probeHamming: Int = 2,
      autoPlan: Boolean = true, targetCosine: Double = 0.9,
      targetOccupancy: Double = 2.0, knownCount: Long = -1L): DataFrame = {
    val (pBits, pHamming) =
      if (!autoPlan) (bits, probeHamming)
      else planLshProbe(
        if (knownCount >= 0) knownCount else embeddings.count(),
        targetCosine, bits, probeHamming, targetOccupancy)
    val ortho = pBits != bits
    val q = array(query.map(v => lit(v)): _*)
    val qSig = sigCol(q, pBits, ortho)
    embeddings
      .withColumn("__sig", sigCol(col(vecCol), pBits, ortho))
      .filter(bit_count(col("__sig").bitwiseXOR(qSig)) <= pHamming)
      // 6dp rounding BEFORE the order: cross-engine fp summation orders
      // agree to ~1e-13, so the oracle's top-k tie-breaks identically
      .select(col(idCol).as("vec_id"), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * Batched k-NN JOIN: every row of `queries` gets its top-k neighbors
   * from `corpus` — the scale-path form of per-query ANN for jobs that
   * rank thousands-to-millions of queries at once (retrieval-backed
   * dedup, hard-negative mining over a whole training set). Candidates
   * come from hyperplane-LSH buckets: the query side EXPLODES its
   * multiprobe hamming ball (sum of C(bits, <=h) probe keys per query,
   * a compile-time literal mask list) and equi-joins the corpus on the
   * bucket key — NEVER a query x corpus cross join, and unlike
   * broadcast-anchor mining the query side may be corpus-sized: both
   * sides shuffle on the bucket key only. Ranking windows partition by
   * query id, so parallelism scales with the query count. Cosines are
   * rounded to 6dp with a vec_id tiebreak (cross-engine-stable cuts).
   *
   * Recall matches [[lshTopK]] at the same bits/probeHamming: the probe
   * ball IS the hamming-distance filter, expressed as an equi-join.
   *
   * Fixed bits share the banding operators' quadratic exposure: per-query
   * candidates are ball(bits, h) * n / 2^bits, linear in the corpus at
   * fixed bits — a corpus-sized query side makes total candidate mass
   * quadratic. `autoPlan` (the PRODUCTION DEFAULT since round 13 — the
   * plan is a no-op below the occupancy threshold, so small corpora keep
   * the exact reference probe bit-for-bit, and the default API at 100M
   * vectors is no longer the linear-per-query fixed probe) widens the
   * signature with log2(n) and re-picks the probe radius to hold recall
   * at `targetCosine` — see [[planLshProbe]]. Pass `autoPlan = false` to
   * pin the explicit (bits, probeHamming) at any corpus size.
   *
   * @return (query_id, vec_id, cosine) — up to k rows per query
   */
  def lshKnnJoin(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int,
      bits: Int = 12, probeHamming: Int = 1,
      autoPlan: Boolean = true, targetCosine: Double = 0.9,
      targetOccupancy: Double = 2.0): DataFrame = {
    val (pBits, pHamming) =
      if (!autoPlan) (bits, probeHamming)
      else planLshProbe(
        corpus.count(), targetCosine, bits, probeHamming, targetOccupancy)
    // widened signatures ride the orthonormal family: at the reference
    // width the +-1 family IS the contract (oracle-replayed), but past it
    // correlated +-1 bits inflate bucket mass over the planner's
    // independent-bit model — see [[graft.functions.OrthoPlaneSig]]
    lshKnnJoinAt(queries, corpus, vecCol, idCol, k, pBits, pHamming,
      ortho = pBits != bits)
  }

  /** The signature column at either plane family. */
  private[graft] def sigCol(vec: Column, bits: Int, ortho: Boolean): Column =
    if (ortho) graft.functions.exprToColumn(graft.functions.OrthoPlaneSig(
      graft.functions.columnToExpr(vec), bits))
    else hyperplaneSig(vec, 0, bits)

  private def lshKnnJoinAt(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int,
      bits: Int, probeHamming: Int, ortho: Boolean = false): DataFrame = {
    val masks = AnnIndex.probeSigs(0L, bits, probeHamming)
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qsig", sigCol(col("__qv"), bits, ortho))
      .withColumn("sig", explode(array(
        masks.map(m => col("__qsig").bitwiseXOR(lit(m))): _*)))
    val c = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
      .withColumn("sig", sigCol(col("__cv"), bits, ortho))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    q.join(c, Seq("sig")) // each corpus row has ONE sig: no duplicate pairs
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /**
   * True IVF (inverted-file) ANN: coarse-quantize the corpus into cells,
   * rank cells by centroid-to-query cosine, probe the nProbe best. At
   * scale the assigned table is written partitioned by `cell`, so a probe
   * reads nProbe partitions, not the corpus.
   *
   * Two coarse quantizers behind the same interface:
   *  - `"kmeans"` (production default): one MLlib KMeans fit (seeded —
   *    deterministic within a Spark build, but NOT replayable by another
   *    engine).
   *  - `"sign"`: the cell is the sign pattern of the first log2(nCells)
   *    dimensions and the centroid is the per-dim member mean — fully
   *    deterministic and SQL-replayable (the `ann_ivf_topk` DuckDB oracle
   *    replays cells, centroids, probe ranking and the final top-k
   *    value-for-value), with the identical plan shape: constant-width
   *    cell assignment, partial-aggregated centroid means, nProbe-pruned
   *    exact scan. Centroid ranking and the final cosine are rounded to
   *    6dp (with cell / vec_id tiebreaks) so both engines cut identically.
   */
  def ivfTopK(
      embeddings: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nCells: Int = 16, nProbe: Int = -1,
      seed: Long = 42L, quantizer: String = "kmeans",
      autoPlan: Boolean = true, targetCellRows: Long = 4096L,
      knownCount: Long = -1L): DataFrame = {
    // Fixed nCells shares the banding operators' scale exposure one level
    // down: a probe scans nProbe * n / nCells rows, LINEAR in the corpus
    // at fixed cells (16 cells at 100M vectors = 25M rows per probed
    // cell). The occupancy plan pins rows-per-cell instead — the
    // PRODUCTION DEFAULT, a no-op below refCells * targetCellRows rows so
    // small corpora (and the ann_ivf_topk oracle) keep the explicit cell
    // count bit-for-bit. See [[planIvfCells]]. The plan's count() job is
    // per-call — many-query callers pass `knownCount` or probe a
    // persisted [[AnnIndex]] (see the count-cost caveat on [[lshTopK]]).
    val cells =
      if (!autoPlan) nCells
      else planIvfCells(
        if (knownCount >= 0) knownCount else embeddings.count(),
        nCells, targetCellRows)
    // nProbe < 0 => recall-holding plan at the planned cell count
    // ([[planIvfProbe]]; == the explicit default at/below refCells, so
    // nothing below the occupancy threshold moves)
    val probe = if (nProbe >= 0) nProbe else planIvfProbe(cells)
    ivfTopKAt(embeddings, vecCol, idCol, query, k, cells, probe, seed, quantizer)
  }

  private def ivfTopKAt(
      embeddings: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nCells: Int, nProbe: Int,
      seed: Long, quantizer: String): DataFrame = quantizer match {
    case "sign" => ivfSignTopK(embeddings, vecCol, idCol, query, k, nCells, nProbe)
    case "kmeans" =>
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val prepared = embeddings
        .withColumn("__features", array_to_vector(col(vecCol).cast("array<double>")))
      val model = new KMeans().setK(nCells).setSeed(seed)
        .setFeaturesCol("__features").setPredictionCol("cell")
        .fit(prepared)
      val assigned = model.transform(prepared).drop("__features")
      // nProbe nearest centroids to the query — k centroids, driver-side math
      val centroids = model.clusterCenters.map(_.toArray)
      val q = query.map(_.toDouble).toArray
      val probeCells = centroids.zipWithIndex
        .map { case (c, i) =>
          val dot = c.zip(q).map { case (a, b) => a * b }.sum
          val nc = math.sqrt(c.map(x => x * x).sum)
          val nq = math.sqrt(q.map(x => x * x).sum)
          (i, if (nc > 0 && nq > 0) dot / (nc * nq) else 0.0)
        }
        .sortBy(-_._2).take(nProbe).map(_._1)
      val qCol = array(query.map(v => lit(v)): _*)
      assigned
        .filter(col("cell").isin(probeCells.toSeq: _*))
        .select(col(idCol).as("vec_id"), cosine(col(vecCol), qCol).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id").asc)
        .limit(k)
    case other => throw new IllegalArgumentException(
      s"ivfTopK: unknown quantizer '$other' (kmeans|sign)")
  }

  /** The `"sign"` arm of [[ivfTopK]]. Cells, centroids and both rankings
    * are deterministic expression trees; the centroid table is nCells
    * rows and the probe list is collected driver-side exactly like the
    * k-means arm (and [[AnnIndex.searchIvf]]) already do. */
  private def ivfSignTopK(
      embeddings: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val signBits = java.lang.Long.numberOfTrailingZeros(nCells.toLong).toInt
    require(nCells > 0 && (1 << signBits) == nCells,
      s"ivfTopK(sign): nCells must be a power of two, got $nCells")
    // nCells=1 => signBits=0: one cell, every vector in it (degenerates
    // to the exact scan instead of tripping an empty reduce)
    val cellExpr =
      if (signBits == 0) lit(0L)
      else (0 until signBits).map(j =>
        when(try_element_at(col("v"), lit(j + 1)) >= 0, lit(1L << j))
          .otherwise(lit(0L)))
        .reduce(_ + _)
    val cells = embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", cellExpr)
    // per-dim means, partial-aggregated to (nCells x dims) pre-exchange —
    // the same centroid machinery semDedup proves replayable
    val centroids = cells
      .select(col("cell"), posexplode_outer(col("v")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg(col("x")).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("cm"))
      .select(col("cell"), transform(col("cm"), s => s.getField("m")).as("centroid"))
    val qCol = array(query.map(v => lit(v)): _*)
    val probeCells = centroids
      .select(col("cell"), round(cosine(col("centroid"), qCol), 6).as("cc"))
      .orderBy(col("cc").desc, col("cell").asc)
      .limit(nProbe)
      .collect().map(_.getLong(0)).toSeq
    cells
      .filter(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), round(cosine(col("v"), qCol), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the corpus in embedding space, find
   * within-cluster pairs above a cosine threshold, connect them into dup
   * groups, and from each group KEEP the member with the LOWEST cosine to
   * its cluster centroid (the paper keeps the low-similarity-to-centroid
   * representative; ties break on id). The paper clusters with k-means;
   * here the cluster key is the sign pattern of the first `signBits`
   * dimensions — deterministic (so the DuckDB oracle can replay the whole
   * operator exactly) with the identical plan shape: one constant-width
   * cluster assignment pass, centroids via partial-aggregated per-dim
   * means, broadcast centroid join.
   *
   * Scale shape: no all-pairs ANYWHERE — candidate pairs come from the
   * sign-band LSH with the cluster folded into the bucket key, never a
   * full within-cluster self-join (clusters are corpus FRACTIONS, and a
   * sign-biased embedding family can drop most of a corpus into a few
   * sign patterns — pairwise-in-cluster would be quadratic). The
   * centroid table is #clusters rows and broadcasts; components run on
   * the dup-pair graph only, which is duplicate-mass-sized.
   *
   * @return (id, cluster, component, cos_centroid, action keep|drop)
   */
  def semDedup(embeddings: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.9, signBits: Int = 6,
      autoPlan: Boolean = true, targetOccupancy: Double = 2.0): DataFrame = {
    val cells = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cluster", (0 until signBits).map(j =>
        when(try_element_at(col("v"), lit(j + 1)) >= 0, lit(1L << j))
          .otherwise(lit(0L)))
        .reduce(_ + _))
    // per-dim means: the explode is wide but partial aggregation collapses
    // it to (#clusters x dims) before the exchange
    val centroids = cells
      .select(col("cluster"), posexplode_outer(col("v")).as(Seq("i", "x")))
      .groupBy("cluster", "i").agg(avg(col("x")).as("m"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("cm"))
      .select(col("cluster"), transform(col("cm"), s => s.getField("m")).as("centroid"))
    val cosc = cells.join(broadcast(centroids), Seq("cluster"))
      .select(col("id"), col("cluster"),
        round(cosine(col("v"), col("centroid")), 6).as("cos_centroid"))
    // Within-cluster candidate pairs via the SIGN-BAND LSH (the
    // embeddingNearDupPairs machinery) with the cluster in the bucket
    // key — NOT a full within-cluster self-join: clusters are corpus
    // fractions (sign-biased embedding families can drop most of a
    // corpus into a handful of sign patterns), so pairwise-in-cluster
    // would be quadratic. Band collisions keep candidate counts at
    // near-dup mass; exact copies agree on every band, so recall on
    // true semantic dups is unaffected.
    // try_element_at: dims past the vector length contribute 0 to the
    // band key (ANSI element_at throws; DuckDB's v[i] OOB yields NULL and
    // the oracle's CASE treats it as 0 — this matches that exactly), so
    // shorter embeddings than bands*bitsPerBand dims are fine.
    // Fixed-width banding shares dedup_embedding's quadratic-in-n
    // exposure (candidate mass ~ bands*n^2/2^(bits+1)); the same
    // occupancy-targeted plan applies — the production DEFAULT since
    // round 13, and below the threshold the plan IS (4, 16), keeping the
    // oracle-replayed banding bit-identical (emb_semdedup and its
    // explicit-plan twin emb_semdedup_fixed share one oracle).
    val refBands = 4; val refBits = 16
    val planned =
      if (!autoPlan) (refBands, refBits)
      else planEmbeddingBands(cells.count(), minCosine,
        refBands, refBits, targetOccupancy)
    val banded =
      if (planned == (refBands, refBits))
        cells.select(col("cluster"), col("id"), posexplode_outer(
          array((0 until refBands).map { k =>
            (0 until refBits).map { j =>
              when(try_element_at(col("v"), lit(k * refBits + j + 1)) >= 0,
                lit(1L << j)).otherwise(lit(0L))
            }.reduce(_ + _)
          }: _*)).as(Seq("band", "key")))
      else {
        // orthonormal wide-band family — same reasoning as
        // embeddingCandidates' scale arm (correlated +-1 bits inflate
        // collision mass past the occupancy model; OrthoPlaneSig holds it)
        val (nBands, nBits) = planned
        cells.select(col("cluster"), col("id"), posexplode_outer(
          array((0 until nBands).map { k =>
            graft.functions.exprToColumn(graft.functions.OrthoPlaneSig(
              graft.functions.columnToExpr(col("v")), nBits, k * nBits))
          }: _*)).as(Seq("band", "key")))
      }
    val idPairs = Dedup.bucketPairs(banded, Seq("cluster", "band", "key"))
    val a = cells.select(col("id").as("id_a"), col("v").as("v_a"))
    val b = cells.select(col("id").as("id_b"), col("v").as("v_b"))
    val dupPairs = idPairs
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .select("id_a", "id_b")
    val comp = Dedup.connectedComponents(dupPairs, Some(cells.select("id")))
    val wComp = Window.partitionBy(col("component"))
    comp.join(cosc, Seq("id"))
      .withColumn("__rn", row_number().over(
        wComp.orderBy(col("cos_centroid"), col("id"))))
      .withColumn("__n", count(lit(1)).over(wComp))
      .select(col("id"), col("cluster"), col("component"), col("cos_centroid"),
        when(col("__n") > 1 && col("__rn") > 1, "drop").otherwise("keep")
          .as("action"))
  }

  /**
   * All-pairs near-duplicate detection in embedding space via banded
   * component-sign LSH: band k's key is the sign pattern of components
   * [k*bitsPerBand+1 .. (k+1)*bitsPerBand] (default 4 bands x 16 bits =
   * 65536 cells per band); candidates collide on ANY band, then verify
   * exact cosine >= threshold. Requires dim >= bands*bitsPerBand.
   *
   * Scale shape: cell count grows with bitsPerBand (configurable — raise
   * it as the corpus grows, vs the fixed 256 cells of a single 8-bit sign
   * key), banding recovers the recall a wider key costs, buckets collect
   * IDs ONLY, and the cosine verify is redistributed hash-by-pair so a
   * dense cell never serializes into one task. `autoPlan` (production
   * default) applies [[planEmbeddingBands]] — occupancy-pinned bits,
   * recall-compensated band count, orthonormal wide-band planes; a no-op
   * below the threshold, so small corpora keep the oracle-replayed
   * explicit banding.
   */
  def embeddingNearDupPairs(
      embeddings: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, bands: Int = 4, bitsPerBand: Int = 16,
      autoPlan: Boolean = true, targetOccupancy: Double = 2.0): DataFrame = {
    val cells = embCells(embeddings, vecCol, idCol)
    val idPairs = embeddingCandidates(cells, minCosine,
      bands, bitsPerBand, autoPlan, targetOccupancy)
    val a = cells.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val b = cells.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    idPairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      // round to 6dp: keeps the threshold comparison stable across engines
      // (different fp summation orders agree to ~1e-13)
      .select(col("id_a"), col("id_b"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
          .otherwise(lit(0.0)), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Candidate generation for [[embeddingNearDupPairs]], factored so the
    * auto-plan A/B (spec + scale probes) can count candidate mass
    * directly. `cells` must carry (id, v). */
  private[graft] def embeddingCandidates(
      cells: DataFrame, minCosine: Double,
      refBands: Int, refBits: Int,
      autoPlan: Boolean, targetOccupancy: Double): DataFrame = {
    val planned =
      if (!autoPlan) (refBands, refBits)
      else planEmbeddingBands(
        // count(*) over parquet resolves from row-group metadata — the
        // probe is one cheap job, same convention as FuzzyJoin.planSalts
        cells.count(), minCosine, refBands, refBits, targetOccupancy)
    // id/band/key only into the candidate self-join — carrying the
    // vectors through the bucket shuffle would ship d floats per side
    Dedup.bucketPairs(
      bandedEmbeddingCells(cells, planned, (refBands, refBits))
        .select("band", "key", "id"),
      Seq("band", "key"))
  }

  /** (id, band, key) banding of embedding cells under an explicit plan —
    * factored from [[embeddingCandidates]] so the persisted
    * [[buildEmbeddingIndex]] and its probes band with the SAME keys.
    * When the plan equals the reference, band k's key is the sign
    * pattern of dims [k*bits, (k+1)*bits) — bit-for-bit the
    * pre-autoPlan banding the dedup_embedding oracle replays. Wider
    * plans come from the deterministic ORTHONORMAL-hyperplane family, a
    * disjoint plane range per band (planeOffset): the ±1 splitmix
    * family's correlated bits inflate collision mass 2-2.5x over the
    * planner's independent-bit model at 18+ bits (measured, ProbeSuite
    * emb_plan) — see [[graft.functions.OrthoPlaneSig]]. Extra columns
    * on `cells` (e.g. the vector itself) ride along. */
  private def bandedEmbeddingCells(cells: DataFrame,
      planned: (Int, Int), ref: (Int, Int)): DataFrame = {
    val (refBands, refBits) = ref
    val width = refBands * refBits
    if (planned == ref)
      cells.select(col("*"), posexplode_outer(
        // a vector narrower than the plan fails with a message naming
        // both, inside the key expression (no extra job)
        when(col("v").isNotNull && size(col("v")) < width, raise_error(concat(
          lit(s"embedding band index: the reference plan ($refBands bands " +
            s"x $refBits bits) reads $width dims, but vector "),
          col("id").cast("string"), lit(" has "),
          size(col("v")).cast("string"), lit(" — widen the vectors or " +
            "pass bands x bitsPerBand <= the dimension")))).otherwise(
        array((0 until refBands).map { k =>
          (0 until refBits).map { j =>
            when(element_at(col("v"), k * refBits + j + 1) >= 0,
              lit(1L << j)).otherwise(lit(0L))
          }.reduce(_ + _)
        }: _*))).as(Seq("band", "key")))
    else {
      val (nBands, nBits) = planned
      cells.select(col("*"), posexplode_outer(
        array((0 until nBands).map { k =>
          graft.functions.exprToColumn(graft.functions.OrthoPlaneSig(
            graft.functions.columnToExpr(col("v")), nBits, k * nBits))
        }: _*)).as(Seq("band", "key")))
    }
  }

  /** (id, v, n) cells of a vector table: norms computed ONCE per
    * vector, the per-pair verify is then a single dot product. */
  private def embCells(vecs: DataFrame, vecCol: String,
      idCol: String): DataFrame =
    vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))

  /** The embedding verify: cosine over the stored vectors and norms,
    * 6dp-rounded like the one-shot [[embeddingNearDupPairs]]. */
  private def embFamily(minCosine: Double) =
    Dedup.BandFamily.scored("v" -> "v", "n" -> "n")("cosine", (a, b) =>
      round(when(a("n") > 0 && b("n") > 0,
        dot(a("v"), b("v")) / (a("n") * b("n"))).otherwise(lit(0.0)), 6),
      _ >= minCosine)

  // ----------------------- persisted embedding band index (round 16)
  //
  // The minhash index's production shape, for the EMBEDDING near-dup
  // family: banding work happens once per vector ever, a day's batch
  // dedups against the persisted band keys without re-banding the
  // corpus, and the band-index lifecycle verbs
  // ([[Dedup.deleteFromMinhashIndex]], [[Dedup.vacuumMinhashTombstones]],
  // [[Dedup.compactMinhashIndex]], [[Dedup.minhashIndexHealth]] /
  // [[Dedup.maintainMinhashIndex]] — [[IndexStore]] under
  // [[Dedup.BandLayout]]) never read the payload columns, so they serve
  // this index as they are. The one
  // embedding-specific sidecar is `_embplan`: unlike the minhash
  // index, whose shingle/hash parameters are the caller's contract,
  // the banding plan here is DATA-dependent (autoPlan widens bands
  // with log2(n)), so the build freezes its plan and every probe/
  // append bands with the INDEX's geometry — mismatched keys would
  // silently lose every cross-batch collision. Readers fail closed on
  // a missing sidecar (the interrupted-rebuild state, the AnnIndex
  // discipline).

  /**
   * Persist an embedding near-dup band index at `path`: one row per
   * (vector, band) carrying (id, v, n, band, key), band-partitioned
   * under the minhash index's bounded write discipline. The plan —
   * auto-planned by [[planEmbeddingBands]] at the corpus count, or the
   * explicit reference (bands × bitsPerBand) — freezes in `_embplan`.
   *
   * Storage is `bands` × the raw vectors (each vector rides its band
   * rows — the minhash index's stored-shingle tradeoff): the verify
   * join then reads vectors in place, where a keys-only index would
   * pay one more corpus-wide shuffle per probe to join the vectors
   * back. At d=64 floats and the planned 5-7 bands this is ~1.3-1.8 KB
   * per vector — the probe-latency-for-storage trade a dedup cadence
   * wants; a deployment tighter on storage than probe time should
   * store (id, band, key) plus a vector side-table and accept the
   * extra join.
   *
   * @return the frozen (bands, bitsPerBand) plan
   */
  def buildEmbeddingIndex(embeddings: DataFrame, vecCol: String,
      idCol: String, path: String, minCosine: Double = 0.95,
      bands: Int = 4, bitsPerBand: Int = 16, autoPlan: Boolean = true,
      targetOccupancy: Double = 2.0): (Int, Int) = {
    val spark = embeddings.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // delete-first sidecar protocol: every interrupted state is
    // sidecar-LESS and readers refuse it
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_embplan"), true)
    val cells = embCells(embeddings, vecCol, idCol)
    // the autoPlan count doubles as the `_rows` drift-WARN baseline —
    // one column-pruned job either way, never two
    val nVecs = cells.count()
    val planned =
      if (!autoPlan) (bands, bitsPerBand)
      else planEmbeddingBands(nVecs, minCosine, bands,
        bitsPerBand, targetOccupancy)
    Dedup.writeBands(bandedEmbeddingCells(cells, planned,
      (bands, bitsPerBand)), "overwrite", path)
    writeEmbPlan(fs, path, EmbPlan(planned, (bands, bitsPerBand),
      minCosine, targetOccupancy, autoPlan))
    IndexStore.writeRows(fs, path, nVecs)
    planned
  }

  /** Append a batch under the index's FROZEN plan (the train-then-add
    * contract: keys are the index's identity). Refuses the streaming
    * batch= layout and mid-vacuum trees, like the minhash append.
    *
    * WARNs on plan drift (round 17 — the [[graft.operators.AnnIndex]]
    * `appendLsh` discipline on this index): when
    * [[planEmbeddingBands]] at the post-append count would pick a
    * WIDER geometry than the frozen one, per-band candidate mass has
    * outgrown the plan's occupancy target and incremental-dedup cost
    * degrades toward the unbanded regime until
    * [[reindexEmbeddingIndex]] re-plans. The count comes from the
    * `_rows` sidecar (advisory — see [[embVectorCount]]), so the WARN
    * never runs a job over the index data path.
    *
    * @return rows appended (one per vector per band) */
  def appendToEmbeddingIndex(newVecs: DataFrame, vecCol: String,
      idCol: String, path: String): Long = {
    val spark = newVecs.sparkSession
    val fs = IndexStore.fsOf(spark, path)
    Dedup.requireAppendable(spark, path, "appendToEmbeddingIndex",
      "ingestEmbeddingBatch")
    val plan = readEmbPlan(spark, path)
    // read the OLD count before the append lands: the missing-sidecar
    // fallback counts the data path, and counting after would fold the
    // batch in twice
    val oldN = embVectorCount(spark, path)
    val cells = embCells(newVecs, vecCol, idCol)
    // bump the advisory count BEFORE the data append (round 18, advisor
    // fix): a crash between the two must leave the sidecar OVER-reading
    // by the batch (WARN fires early), never a valid-but-stale count
    // that under-reads permanently — the band-0 self-heal can't fire on
    // a sidecar that still parses, so the old order (data first, bump
    // second) silently delayed the drift WARN forever after one crash.
    // A THROWING (not crashing) append rolls the bump back, so a
    // caller's retry doesn't double-count the batch; a hard crash
    // still over-reads — the designed direction.
    val appended = newVecs.select(col(idCol)).count()
    IndexStore.writeRows(fs, path, oldN + appended)
    try Dedup.writeBands(bandedEmbeddingCells(cells, plan.planned,
      plan.ref), "append", path)
    catch { case e: Throwable =>
      IndexStore.writeRows(fs, path, oldN); throw e
    }
    warnEmbDrift(plan, oldN + appended, s"appendToEmbeddingIndex($path)")
    appended * plan.planned._1
  }

  /**
   * Near-dup pairs of a NEW batch against the indexed corpus (plus
   * within the batch itself): batch keys are computed fresh under the
   * index's frozen plan, corpus keys and VECTORS come off the index —
   * the corpus is never re-read and never re-banded. The verify is the
   * one-shot [[embeddingNearDupPairs]] cosine, 6dp-rounded, so an
   * indexed probe and a one-shot run agree value-for-value. Tombstoned
   * ids ([[Dedup.deleteFromMinhashIndex]]) are anti-joined before the
   * band join; `scope` (round-16 polarity discipline) restricts which
   * INDEXED vectors may pair — one shared index serves per-tenant
   * dedup. Returns (id_a, id_b, cosine), smaller id first, each pair
   * once.
   *
   * @param minCosine NaN (default) = the threshold the index was
   *   planned for (`_embplan`); pass a value to override — the plan's
   *   recall target was set at build time either way
   */
  def incrementalEmbeddingPairs(newVecs: DataFrame, vecCol: String,
      idCol: String, indexPath: String, minCosine: Double = Double.NaN,
      scope: Option[DataFrame] = None): DataFrame = {
    val plan = readEmbPlan(newVecs.sparkSession, indexPath)
    val cells = embCells(newVecs, vecCol, idCol)
    Dedup.probeBands(bandedEmbeddingCells(cells, plan.planned, plan.ref),
      embFamily(if (minCosine.isNaN) plan.minCosine else minCosine),
      indexPath, scope)
  }

  /**
   * One embedding-index ingestion micro-batch, banding work done ONCE —
   * the [[Dedup.ingestBatch]] discipline on this index: compute the
   * batch's banded keys a single time, return the batch's near-dup
   * pairs (against the existing index when `indexPath` is given, plus
   * within the batch itself), and write the keys+vectors to
   * `indexBatchDir` (the batch's own `batch=N` partition — overwrite,
   * so a replayed batch is idempotent). The FIRST batch is the train
   * step: it freezes the banding plan (auto-planned at ITS count) in
   * the root's `_embplan`, and every later batch bands under that
   * frozen geometry — the same first-batch-trains contract as
   * [[graft.streaming.Streams.annIngest]], so the first batch should
   * be representative. Pairs materialize BEFORE the index write (the
   * batch must not collide with its own rows through the index path).
   *
   * @param pairsSink as [[Dedup.ingestBatch]]'s: with a sink the
   *   returned frame is a lazy read of that directory, valid only until
   *   the directory is next overwritten.
   */
  def ingestEmbeddingBatch(newVecs: DataFrame, vecCol: String,
      idCol: String, indexPath: Option[String], indexBatchDir: String,
      minCosine: Double = 0.95, bands: Int = 4, bitsPerBand: Int = 16,
      autoPlan: Boolean = true,
      targetOccupancy: Double = 2.0,
      pairsSink: Option[String] = None): DataFrame = {
    val spark = newVecs.sparkSession
    val parent = Dedup.ingestRoot(spark, indexBatchDir,
      "ingestEmbeddingBatch", "appendToEmbeddingIndex")
    val fs = IndexStore.fsOf(spark, parent)
    val cells = embCells(newVecs, vecCol, idCol)
    // the TRAIN batch's vector count feeds the banding plan, so it is
    // counted up front; APPEND batches fold their count into the index
    // write below instead (observe() over the band-0 rows — the exact
    // [[embVectorCount]] band-0-fallback invariant: one row per vector
    // per band), saving the per-batch count job (guide §1.2)
    val nTrainVecs = if (indexPath.isEmpty) cells.count() else -1L
    val plan = indexPath match {
      case Some(p) => readEmbPlan(spark, p)
      case None =>
        // the train step: plan at THIS batch's count; the sidecar is
        // written AFTER the data below (delete-first → fail-closed
        // interrupted states), same order as buildEmbeddingIndex
        fs.delete(new org.apache.hadoop.fs.Path(s"$parent/_embplan"), true)
        val pl =
          if (!autoPlan) (bands, bitsPerBand)
          else planEmbeddingBands(nTrainVecs, minCosine, bands,
            bitsPerBand, targetOccupancy)
        EmbPlan(pl, (bands, bitsPerBand), minCosine, targetOccupancy,
          autoPlan)
    }
    // the OLD advisory count, read BEFORE this batch's rows land: a
    // missing sidecar (a legacy round-16 index, or a crash mid-update)
    // self-heals via [[embVectorCount]]'s band-0 metadata count — a
    // fresh-start 0 here would poison the drift baseline permanently
    // (the count would then under-read unboundedly and the WARN/health
    // drift flag would never fire again)
    val oldN = indexPath.fold(0L)(p => embVectorCount(spark, p))
    val obs = org.apache.spark.sql.Observation()
    val out = Dedup.ingestBands(
      bandedEmbeddingCells(cells, plan.planned, plan.ref),
      embFamily(plan.minCosine), indexPath, indexBatchDir, pairsSink,
      "ingestEmbeddingBatch",
      observed = batch =>
        if (indexPath.isEmpty) batch
        else batch.observe(obs,
          sum(when(col("band") === 0, 1L)).as("n_vecs")))
    if (indexPath.isEmpty) {
      writeEmbPlan(fs, parent, plan)
      IndexStore.writeRows(fs, parent, nTrainVecs)
    } else {
      // advisory bump + drift WARN (see [[appendToEmbeddingIndex]]);
      // a REPLAYED batch overwrites its own batch= dir but bumps the
      // advisory count again — the count may over-read after a crash
      // replay, which only makes the WARN fire early, never late.
      // The batch count comes off the write job's observed band-0 rows
      // (null on an all-empty batch → 0)
      val newN = oldN + IndexStore.observedCount(obs, "n_vecs")
      IndexStore.writeRows(fs, parent, newN)
      warnEmbDrift(plan, newN, s"ingestEmbeddingBatch($parent)")
    }
    out
  }

  /** The parsed `_embplan` sidecar: the frozen geometry, the reference
    * plan it was derived from, the cosine threshold it targets, and
    * (round 17) the occupancy target + autoPlan flag the build used —
    * without them the drift check and [[reindexEmbeddingIndex]] would
    * re-plan against a convention that can disagree with the build. */
  private[graft] case class EmbPlan(planned: (Int, Int), ref: (Int, Int),
      minCosine: Double, targetOccupancy: Double, autoPlan: Boolean)

  /** Freeze the index's plan: `_embplan` carries the planned geometry,
    * the reference plan it was derived from, the cosine threshold it
    * targets, and the planner inputs (occupancy target, autoPlan). */
  private def writeEmbPlan(fs: org.apache.hadoop.fs.FileSystem,
      path: String, plan: EmbPlan): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_embplan"), true)
    try out.write(
      (s"graft-embplan-v1\nbands=${plan.planned._1}\n" +
        s"bits=${plan.planned._2}\n" +
        s"ref_bands=${plan.ref._1}\nref_bits=${plan.ref._2}\n" +
        s"min_cosine=${plan.minCosine}\n" +
        s"target_occupancy=${plan.targetOccupancy}\n" +
        s"auto_plan=${plan.autoPlan}\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read + validate `_embplan`, FAIL-CLOSED: a missing sidecar is the
    * interrupted-rebuild state (builds delete it first), and probing
    * with guessed banding would silently lose every cross-batch
    * collision. Round-16 sidecars carry no planner inputs — they
    * default to the round-16 build defaults (occupancy 2.0, autoPlan
    * on), which is what those builds ran with. */
  private[graft] def readEmbPlan(
      spark: org.apache.spark.sql.SparkSession,
      path: String): EmbPlan = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_embplan")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexStore.requireNoInterruptedVacuum(fs, path,
      "embedding index read", Dedup.BandLayout)
    if (!fs.exists(p)) {
      // a maintenance swap that crashed between its two renames leaves
      // the live path missing and the ONLY copy in the pre-swap dir —
      // prescribing a rebuild here would orphan it (the round-16
      // streaming guard, applied to every batch reader: all embedding
      // index reads funnel through this plan load)
      IndexStore.requireNoCrashedSwap(fs, path, "embedding index read")
      throw new IllegalStateException(
        s"embedding index at $path has no _embplan sidecar — the build " +
          s"deletes it before writing data, so this is an interrupted " +
          s"rebuild (or not an embedding band index); probing with " +
          s"guessed banding would silently miss every collision. " +
          s"Rebuild the index.")
    }
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val kv = text.split("\n").filter(_.contains("="))
      .map { l => val a = l.split("=", 2); (a(0), a(1)) }.toMap
    EmbPlan((kv("bands").toInt, kv("bits").toInt),
      (kv("ref_bands").toInt, kv("ref_bits").toInt),
      kv("min_cosine").toDouble,
      kv.getOrElse("target_occupancy", "2.0").toDouble,
      kv.getOrElse("auto_plan", "true").toBoolean)
  }

  /** The index's vector count from the advisory `_rows` sidecar
    * ([[IndexStore.writeRows]]): the build stamps it, appends and stream
    * batches bump it, so the drift WARN prices geometry growth WITHOUT
    * a per-append job over the index data path. NOT fail-closed: a
    * missing/garbled sidecar (legacy round-16 index, crash mid-update)
    * self-heals with ONE metadata count of the band-0 partition (each
    * vector writes exactly one row per band, so band 0 alone counts
    * vectors and the partition filter keeps even the fallback off the
    * other bands' footers), re-stamped so the next caller reads the
    * sidecar. */
  private[graft] def embVectorCount(
      spark: org.apache.spark.sql.SparkSession, path: String): Long =
    IndexStore.stampedRows(spark, path)(
      spark.read.parquet(path).filter(col("band") === 0).count())

  /** The fresh plan [[planEmbeddingBands]] would pick at `n` vectors,
    * when it is WIDER than the frozen one — None for explicit-plan
    * indexes (the geometry is the caller's contract, like the minhash
    * index's shingle/hash parameters) and for in-plan growth. */
  private[graft] def embPlanDrift(plan: EmbPlan, n: Long)
      : Option[(Int, Int)] =
    if (!plan.autoPlan) None
    else {
      val fresh = planEmbeddingBands(n, plan.minCosine, plan.ref._1,
        plan.ref._2, plan.targetOccupancy)
      if (fresh._2 > plan.planned._2 || fresh._1 > plan.planned._1)
        Some(fresh)
      else None
    }

  private def warnEmbDrift(plan: EmbPlan, n: Long, where: String): Unit =
    embPlanDrift(plan, n).foreach { fresh =>
      System.err.println(s"[similarity] WARN $where: post-append count " +
        s"$n plans (bands, bits) = $fresh vs the index's " +
        s"${plan.planned} — per-band candidate mass is past the plan's " +
        s"occupancy target and incremental-dedup cost degrades toward " +
        s"the unbanded regime; call " +
        s"Similarity.reindexEmbeddingIndex(spark, path) to re-plan and " +
        s"re-band from the index's own rows.")
    }

  /** The embedding index's signal in [[IndexStore.IndexHealth]] — the
    * two inputs only THIS band index needs because its plan is
    * data-dependent (`bands`/`bits` are the frozen plan, `vectors` the
    * `_rows` count):
    *
    *  - `drifted`: growth — a fresh [[planEmbeddingBands]] at `vectors`
    *    picks a wider geometry (`freshBands`/`freshBits`) than the frozen
    *    one (same planner the append WARN consults, so health and the
    *    WARN can never disagree). Sidecar-only, no job.
    *  - `skewed`: distribution shift — bands were planned for
    *    near-isotropic directions, but a drifted data mix piles rows
    *    into few sign cells: `maxBucket` exceeds `skewFactor` × the
    *    larger of the measured mean occupancy and the planned target.
    *    Occupancy drift is blind to this (the count can be exactly
    *    on-plan while one hot cell holds half the corpus and every
    *    probe pays a quadratic verify there) — the band-index analogue
    *    of the PQ `_recon` staleness signal.
    *
    * `buckets`/`maxBucket`/`meanOccupancy` come from ONE column-pruned
    * aggregate over the live (band, key) columns — two small integer
    * columns (plus `id` when a `_tombstones` sidecar forces the live
    * anti-join), no vectors read. That is a data-path job, unlike the
    * rest of the snapshot: run it at maintenance-window cadence, or pass
    * `checkOccupancy = false` (the in-stream maintenance default) for a
    * sidecar/listing-only snapshot with the skew fields zeroed. Either
    * flag prescribes [[reindexEmbeddingIndex]]. */
  case class EmbeddingSignal(bands: Int, bits: Int, vectors: Long,
      freshBands: Int, freshBits: Int, drifted: Boolean, buckets: Long,
      maxBucket: Long, meanOccupancy: Double, skewed: Boolean)
      extends IndexStore.Signal {
    def rebuild: Option[String] =
      Option.when(drifted || skewed)("reindexEmbeddingIndex")
  }

  /** The skew scan's frame — live (band, key) bucket sizes. Factored so
    * the spec can pin its PLAN: `band` is a partition column and `key`
    * the only data column read when no takedowns are pending; with a
    * `_tombstones` sidecar present the live anti-join adds `id` to the
    * `ReadSchema` (two int columns → three). Either way the scan reads
    * NO vectors — at 100 TB the difference between an int-column scan
    * and dragging every stored vector through the group-by. */
  private[graft] def embOccupancyFrame(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    IndexStore.liveRows(spark, path, Dedup.BandLayout)
      .groupBy(col("band"), col("key")).count()

  /** [[Dedup.minhashIndexHealth]] plus the [[EmbeddingSignal]], for
    * either layout (flat `band=` or streaming `batch=N/band=`).
    * Fail-closed on a missing `_embplan` and on mid-vacuum trees, like
    * every other reader. */
  def embeddingIndexHealth(spark: org.apache.spark.sql.SparkSession,
      path: String, skewFactor: Double = 8.0,
      fragmentFactor: Double = 2.0, tombstoneFloor: Long = 1024L,
      minCompactionGain: Double = 0.1, maxGenerations: Int = 64,
      checkOccupancy: Boolean = true)
      : IndexStore.IndexHealth[EmbeddingSignal] =
    IndexStore.health(spark, path, Dedup.BandLayout, "embeddingIndexHealth",
        fragmentFactor, tombstoneFloor, minCompactionGain, maxGenerations) { (_, _) =>
      val plan = readEmbPlan(spark, path) // fail-closed embplan
      val vectors = embVectorCount(spark, path)
      val fresh = embPlanDrift(plan, vectors)
      val (buckets, maxBucket, meanOcc) =
        if (!checkOccupancy) (0L, 0L, 0.0)
        else {
          val occ = embOccupancyFrame(spark, path)
            .agg(count(lit(1)).as("buckets"), max(col("count")).as("mx"),
              sum(col("count")).as("rows"))
            .head()
          val b = occ.getLong(0)
          if (b == 0L) (0L, 0L, 0.0)
          else (b, occ.getLong(1), occ.getLong(2).toDouble / b.toDouble)
        }
      val (bands, bits) = fresh.getOrElse(plan.planned)
      EmbeddingSignal(plan.planned._1, plan.planned._2, vectors, bands, bits,
        fresh.isDefined, buckets, maxBucket, meanOcc,
        skewed = checkOccupancy && buckets > 0L && maxBucket.toDouble >
          skewFactor * math.max(meanOcc, plan.targetOccupancy))
    }

  /**
   * Re-plan and re-band a persisted embedding index FROM ITS OWN ROWS —
   * the [[graft.operators.AnnIndex.reindexLsh]] verb for this index,
   * and the drift WARN's prescribed action. The vectors are stored in
   * the index (the probe-latency-for-storage trade the build makes),
   * so unlike the PQ reindexes no corpus re-read is needed: live rows
   * are de-fanned to one (id, v) per vector, tombstones are honored (a
   * takedown cannot resurrect through a reindex — the `_tombstones`
   * sidecar is consumed, not carried), the plan is re-picked at the
   * LIVE count, and the cut-over is the staged rewrite
   * ([[IndexStore.rewriteStaged]]): a crash or a throwing rebuild leaves
   * the original index untouched and answering, never a readable
   * half-index. The streaming `batch=N` layout collapses into one
   * `batch=-1` generation (as a band-index compaction does — no
   * replayed batchId can collide with it), so the verb also subsumes a
   * compaction; the flat layout rebuilds flat.
   *
   * An id appended more than once keeps ONE arbitrary row's vector
   * (they are re-crawls of the same id; band keys re-derive from
   * whichever survives).
   *
   * @param bands,bitsPerBand the REFERENCE plan the re-plan derives
   *   from; negative (default) = the reference frozen in `_embplan` —
   *   NOT the current plan, which may itself already be widened
   * @param targetOccupancy NaN (default) = the occupancy target the
   *   index was planned for (`_embplan`)
   * @return the re-picked (bands, bitsPerBand) plan
   */
  def reindexEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, bands: Int = -1, bitsPerBand: Int = -1,
      autoPlan: Boolean = true,
      targetOccupancy: Double = Double.NaN): (Int, Int) = {
    val plan = readEmbPlan(spark, path) // fail-closed embplan + vacuum
    val refBands = if (bands > 0) bands else plan.ref._1
    val refBits = if (bitsPerBand > 0) bitsPerBand else plan.ref._2
    val occ =
      if (targetOccupancy.isNaN) plan.targetOccupancy else targetOccupancy
    val fs = IndexStore.fsOf(spark, path)
    val batchLayout = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .exists(_.getPath.getName.startsWith("batch="))
    // every vector fans out to EVERY band at write time, so band 0 alone
    // carries one row per vector — the partition filter prunes the scan
    // to 1/bands of the index and the de-fan needs no shuffle at all
    // (dropDuplicates stays for the double-appended-id case only, now
    // over 1/bands of the data)
    val cells = IndexStore.liveRows(spark, path, Dedup.BandLayout)
      .filter(col("band") === 0)
      .select(col("id"), col("v"))
      .dropDuplicates("id")
      .withColumn("n", norm(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nLive = cells.count()
      if (nLive == 0L) throw new IllegalStateException(
        s"reindexEmbeddingIndex($path): every row is tombstoned — " +
          s"rebuilding would leave an empty, unreadable tree. Delete " +
          s"the index directory instead (or re-ingest first).")
      val planned =
        if (!autoPlan) (refBands, refBits)
        else planEmbeddingBands(nLive, plan.minCosine, refBands,
          refBits, occ)
      val banded = bandedEmbeddingCells(cells, planned,
        (refBands, refBits))
      IndexStore.rewriteStaged(fs, path, IndexStore.Reindex,
          "reindexEmbeddingIndex") { tmp =>
        Dedup.BandLayout.writeCompacted(
            if (batchLayout) banded.withColumn("batch", lit(-1L)) else banded)
          .mode("overwrite").parquet(tmp)
        writeEmbPlan(fs, tmp, EmbPlan(planned,
          (refBands, refBits), plan.minCosine, occ, autoPlan))
        IndexStore.writeRows(fs, tmp, nLive)
      }
      planned
    } finally cells.unpersist(false)
  }

  /** [[IndexStore.maintain]] on [[embeddingIndexHealth]]: the reindex
    * on drift or skew, else the inherited compaction or vacuum. The
    * reindex is guarded against two rewrite-without-progress traps (both
    * the unbounded-write-amplification class the round-16 compaction
    * trigger fix removed); a declined reindex WARNs and the cheap repairs
    * still run, so a takedown on a skewed index still goes physical:
    *
    *  - An EXPLICIT-plan index (autoPlan=false frozen at build) is the
    *    caller's key-space contract — drift never fires for it, and a
    *    skew flip must not silently convert it to auto-planned keys
    *    (anything replaying the contracted banding externally would
    *    lose every collision). The fix is the caller's (rebuild wider,
    *    or dedup the corpus).
    *  - Skew WITHOUT drift means the count hasn't crossed a planner
    *    boundary, so a same-occupancy re-plan reproduces byte-identical
    *    keys — an O(index) rewrite that cannot change the measurement.
    *    Maintain instead tightens the occupancy target 4× (two extra
    *    bits), so the rebuild provably widens; the tightened target
    *    persists in `_embplan`, so repeated skew flips WALK the
    *    geometry toward `maxBits` (splitting any hot cell of distinct
    *    directions) instead of thrashing in place. When even the
    *    tightened plan equals the frozen one (the maxBits cap), the
    *    hot mass is plan-invariant — duplicate vectors share every key
    *    under every hyperplane family — and no banding fixes that.
    *
    * @return the actions taken, in order */
  def maintainEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, skewFactor: Double = 8.0,
      fragmentFactor: Double = 2.0, tombstoneFloor: Long = 1024L,
      minCompactionGain: Double = 0.1, maxGenerations: Int = 64,
      checkOccupancy: Boolean = true): Seq[String] = {
    val h = embeddingIndexHealth(spark, path, skewFactor, fragmentFactor,
      tombstoneFloor, minCompactionGain, maxGenerations, checkOccupancy)
    IndexStore.maintain(spark, path, Dedup.BandLayout, h) {
      val plan = readEmbPlan(spark, path)
      val occ =
        if (h.signal.drifted) plan.targetOccupancy
        else plan.targetOccupancy / 4
      // the guard's candidate must plan at the LIVE count — the count the
      // reindex itself will re-plan at (round 18, advisor fix): the
      // advisory `_rows` count over-reads by tombstoned mass, so under
      // heavy takedowns a `_rows`-planned candidate can differ from the
      // frozen plan while the actual reindex (live-planned) reproduces
      // identical geometry — exactly the O(index) rewrite-without-
      // progress this guard exists to block. The live band-0 count is one
      // partition-pruned job, and only runs when a sidecar exists to
      // diverge over.
      def guardN =
        if (IndexStore.hasTombstones(IndexStore.fsOf(spark, path), path))
          IndexStore.liveRows(spark, path, Dedup.BandLayout)
            .filter(col("band") === 0).count()
        else embVectorCount(spark, path)
      val declined =
        if (!plan.autoPlan) Some("band-occupancy skew on an EXPLICIT-plan " +
          "index — the geometry is the caller's contract, so maintain " +
          "will not re-band it; rebuild with a wider explicit plan (or " +
          "autoPlan) or dedup the corpus.")
        else if (planEmbeddingBands(guardN, plan.minCosine, plan.ref._1,
            plan.ref._2, occ) == plan.planned) Some("skew is PLAN-INVARIANT " +
          s"at this count (hot cells survive even a ${occ}-target re-plan " +
          "— duplicate vectors share every key under every hyperplane " +
          "family); skipping the no-progress rewrite. Dedup the corpus, or " +
          "lower targetOccupancy manually via reindexEmbeddingIndex.")
        else None
      declined match {
        case Some(why) =>
          System.err.println(
            s"[similarity] WARN maintainEmbeddingIndex($path): $why")
          Left(None)
        case None =>
          reindexEmbeddingIndex(spark, path, targetOccupancy = occ)
          Right("reindexEmbeddingIndex")
      }
    }
  }

  /**
   * Occupancy-targeted probe plan for [[lshKnnJoin]]'s scale path,
   * returning (bits, probeHamming). bits grows with log2(n/occupancy) to
   * pin bucket occupancy; the probe radius is then the SMALLEST h whose
   * hamming-ball recall at `targetCosine` matches the reference point:
   * a cos >= t pair flips each signature bit with q = acos(t)/pi
   * (Charikar '02), so recall at (bits, h) is the binomial CDF
   * P[Binom(bits, q) <= h] and the plan holds it at
   * P[Binom(refBits, refHamming)] exactly (CDFs are computed, not
   * first-order-approximated). The ball budget caps the query-side
   * explode factor: if no radius reaches the target recall within
   * `maxBall` probe keys, bits steps back down until one does — the
   * reference plan is always feasible, so the search terminates.
   *
   * Below the occupancy threshold the plan IS (refBits, refHamming).
   */
  def planLshProbe(
      nCorpus: Long, targetCosine: Double = 0.9,
      refBits: Int = 12, refHamming: Int = 1,
      targetOccupancy: Double = 2.0,
      maxBits: Int = 30, maxBall: Int = 4096): (Int, Int) = {
    require(nCorpus >= 0 && refBits > 0 && refHamming >= 0 && targetOccupancy > 0)
    require(targetCosine > -1.0 && targetCosine <= 1.0)
    val q = math.acos(math.min(1.0, targetCosine)) / math.Pi
    def cdf(nb: Int, h: Int): Double = {
      var sum = 0.0
      var term = math.pow(1.0 - q, nb) // P[X = 0]
      var kk = 0
      while (kk <= h) {
        sum += term
        term *= (nb - kk).toDouble / (kk + 1).toDouble * q / (1.0 - q)
        kk += 1
      }
      sum
    }
    def ball(nb: Int, h: Int): Long = {
      var tot = 0L; var c = 1L
      (0 to h).foreach { d =>
        tot += c; c = c * (nb - d) / (d + 1)
      }
      tot
    }
    val target = cdf(refBits, refHamming)
    val wanted = math.ceil(math.log(
      math.max(1.0, nCorpus.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    var bits = math.max(refBits, math.min(maxBits, wanted))
    while (bits > refBits) {
      // smallest radius hitting the target recall within the ball budget
      var h = refHamming
      while (h < bits && cdf(bits, h) < target && ball(bits, h + 1) <= maxBall)
        h += 1
      if (cdf(bits, h) >= target && ball(bits, h) <= maxBall)
        return (bits, h)
      bits -= 1 // ball budget exhausted before recall: narrow and retry
    }
    (refBits, refHamming)
  }

  /**
   * Occupancy-targeted cell plan for the IVF family ([[ivfTopK]],
   * [[AnnIndex.buildIvf]]), returning nCells. A fixed cell count makes
   * the probe scan nProbe * n / nCells rows — linear in the corpus — so
   * the plan pins ROWS PER CELL instead: nCells = 2^ceil(log2(n /
   * targetCellRows)), making a probe read ~nProbe * targetCellRows rows
   * at any corpus size, while the centroid-ranking table (nCells rows,
   * driver-side) stays tiny relative to n (n/4096). Power-of-two cells
   * keep the deterministic sign quantizer valid at any planned size
   * (its cell key is a signBits = log2(nCells) sign pattern), and
   * `maxCells` (default 2^20) keeps signBits within typical embedding
   * dims and the k-means fit tractable.
   *
   * Below the threshold (n <= refCells * targetCellRows) the plan IS
   * refCells — small corpora keep the exact explicit cell count, which
   * is what lets the default-auto `ann_ivf_topk` row keep its
   * value-matched DuckDB oracle.
   */
  def planIvfCells(
      n: Long, refCells: Int = 16,
      targetCellRows: Long = 4096L, maxCells: Int = 1 << 20): Int = {
    require(n >= 0 && refCells > 0 && targetCellRows > 0 && maxCells >= refCells,
      s"bad planIvfCells args: n=$n refCells=$refCells " +
        s"targetCellRows=$targetCellRows maxCells=$maxCells")
    val wanted = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetCellRows)) / math.log(2.0)).toInt
    math.max(refCells, math.min(maxCells, 1 << math.min(30, wanted)))
  }

  /**
   * Recall-holding probe-width plan for the IVF family (round 14 — the
   * last fixed ANN probe knob), returning nProbe. [[planIvfCells]] pins
   * rows-per-cell, which GROWS the cell count with the corpus — and a
   * fixed nProbe over more, finer cells covers a shrinking fraction of a
   * true neighbor's displacement, silently trading the planned scan
   * bound for recall. This plan re-picks nProbe to hold recall at the
   * reference operating point, the same shape as [[planLshProbe]]:
   *
   * For the SIGN coarse quantizer a cell is a signBits = log2(nCells)
   * sign pattern, and a cos >= t neighbor flips each sign bit with
   * q = acos(t)/pi (Charikar '02) — so a neighbor lands within hamming h
   * of the query's cell with P[Binom(signBits, q) <= h]. Probing the
   * nProbe nearest centroids covers the hamming ball from the inside
   * out (nearest cells differ in the smallest-|component| dims — the
   * dims most likely to have flipped, so ball coverage is the
   * conservative model): recall(bits, nProbe) is the binomial CDF at
   * the largest fully-covered radius plus the covered fraction of the
   * next shell. The plan returns the SMALLEST nProbe whose modeled
   * recall matches the (refCells, refProbe) reference point. For the
   * k-means quantizer cells are Voronoi regions, not sign patterns —
   * the model is a heuristic there (documented, like planLshProbe's
   * model being exact only for independent bits); the probe-scan cost
   * bound nProbe * targetCellRows holds for both.
   *
   * At nCells == refCells the plan IS refProbe by construction (the
   * target recall is DEFINED at that point) — the no-op gate that keeps
   * every below-threshold oracle row bit-identical. `maxProbe` caps the
   * scan bound (nProbe * targetCellRows rows); a binding cap warns on
   * stderr (no silent caps — repo convention).
   */
  def planIvfProbe(nCells: Int, targetCosine: Double = 0.9,
      refCells: Int = 16, refProbe: Int = 4, maxProbe: Int = 256): Int = {
    require(nCells > 0 && refCells > 0 && refProbe > 0 && maxProbe >= refProbe,
      s"bad planIvfProbe args: nCells=$nCells refCells=$refCells " +
        s"refProbe=$refProbe maxProbe=$maxProbe")
    require(targetCosine > -1.0 && targetCosine <= 1.0)
    if (nCells <= refCells) return math.min(refProbe, nCells)
    val q = math.acos(math.min(1.0, targetCosine)) / math.Pi
    // fractional ball-coverage recall model at (bits, nProbe)
    def recallAt(bits: Int, nProbe: Int): Double = {
      var covered = 0L
      var h = 0
      var recall = 0.0
      var pmf = math.pow(1.0 - q, bits) // P[X = 0]
      var shell = 1L                    // C(bits, 0)
      while (h <= bits && covered < nProbe) {
        val take = math.min(shell, nProbe - covered)
        recall += pmf * take.toDouble / shell.toDouble
        covered += take
        // next shell
        pmf = pmf * (bits - h).toDouble / (h + 1).toDouble * q / (1.0 - q)
        shell = shell * (bits - h) / (h + 1)
        h += 1
      }
      recall
    }
    def bitsOf(c: Int): Int = 63 - java.lang.Long.numberOfLeadingZeros(c.toLong).toInt
    val target = recallAt(bitsOf(refCells), refProbe)
    val bits = bitsOf(nCells)
    var nProbe = refProbe
    while (nProbe < math.min(nCells, maxProbe) && recallAt(bits, nProbe) < target)
      nProbe += 1
    if (recallAt(bits, nProbe) < target)
      System.err.println(s"[similarity] WARN planIvfProbe: maxProbe cap " +
        s"binds ($maxProbe used at $nCells cells, targetCosine " +
        s"$targetCosine) — modeled recall falls below the ($refCells, " +
        s"$refProbe) reference point; raise maxProbe to hold it")
    nProbe
  }

  /**
   * Occupancy-targeted banding plan for [[embeddingNearDupPairs]]'s scale
   * path. Fixed-width banding is quadratic in corpus size: expected
   * candidate mass is bands * n^2 / 2^(bits+1), so 16-bit bands that cost
   * 11M candidate pairs at 600k vectors cost 3x10^12 at 100M — the probe
   * dies long before the verify join does. The plan:
   *
   *  - bits grows with log2(n / targetOccupancy), pinning expected bucket
   *    occupancy (hence candidate mass ~ bands * n * occupancy / 2) to a
   *    constant per row — the same stats-conditioned shape as the ngram
   *    blocker's width scaling and FuzzyJoin.planSalts;
   *  - bands grows to hold recall at the threshold: a cos >= t pair agrees
   *    on one random hyperplane with p = 1 - acos(t)/pi (Charikar '02,
   *    STOC), so one band matches with p^bits and the reference recall
   *    1-(1-p^refBits)^refBands is held by bands ~ refBands * p^-(bits-refBits)
   *    (first-order in the small per-band match probability).
   *
   * Below the occupancy threshold the plan IS (refBands, refBits) — small
   * corpora keep their exact old plan and the oracle-replayed banding.
   *
   * CAP CAVEAT: `maxBands` bounds the explode factor (bands multiply
   * every downstream shuffle), so when the recall compensation wants more
   * than `maxBands` bands — loose thresholds at wide bits, e.g. minCosine
   * 0.8 at 30 bits wants ~99 — the cap BINDS and recall at the threshold
   * falls below the reference point (candidate cost wins over recall by
   * design; the repo convention is no SILENT caps, so a binding cap warns
   * on stderr). Callers that need the reference recall at a loose
   * threshold should raise `maxBands` — candidate mass stays
   * occupancy-pinned per band — or lower `targetOccupancy` only.
   *
   * Measured at 2.02M vectors (EmbPlanProbe, one JVM, planted cos≈0.95
   * near-dups; round-13 orthonormal-family numbers): the default
   * occupancy-2 plan (8 bands × 20 bits) vs the fixed reference banding
   * — candidates 124.6M → 15.6M (8.0×, within 0.5% of the
   * independent-bit model), e2e wall 186.8 s → 14.3 s (13.1×), planted
   * recall 0.398 → 0.651 (the wide hyperplane bands also happen to
   * degrade more gracefully than sign-of-dims under per-dim additive
   * noise).
   *
   * The model this plan budgets against (uniform 2^bits buckets) holds
   * only when a band's sign bits are INDEPENDENT — which the round-13
   * gaussian-corpus probe showed the ±1 splitmix planes violate at wide
   * bits (2.45× collision-mass overshoot at 18 bits). The wide arms
   * therefore hash with [[graft.functions.OrthoPlaneSig]] (per-band
   * orthonormalized planes — measured mass within 0.1% of the model,
   * ProbeSuite emb_plan); the recall compensation here is unchanged, as
   * each orthonormalized plane is still a uniform random direction.
   */
  def planEmbeddingBands(
      n: Long, minCosine: Double,
      refBands: Int = 4, refBits: Int = 16,
      targetOccupancy: Double = 2.0,
      maxBits: Int = 30, maxBands: Int = 32): (Int, Int) = {
    require(n >= 0 && refBands > 0 && refBits > 0 && targetOccupancy > 0)
    require(minCosine > -1.0 && minCosine <= 1.0, s"bad minCosine $minCosine")
    val wanted = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    val bits = math.max(refBits, math.min(maxBits, wanted))
    if (bits == refBits) (refBands, refBits)
    else {
      val p = 1.0 - math.acos(math.min(1.0, minCosine)) / math.Pi
      val wantedBands =
        math.ceil(refBands * math.pow(p, -(bits - refBits).toDouble)).toInt
      if (wantedBands > maxBands)
        System.err.println(s"[similarity] WARN planEmbeddingBands: maxBands " +
          s"cap binds ($wantedBands wanted, $maxBands used at $bits bits, " +
          s"minCosine $minCosine) — recall at the threshold falls below the " +
          s"($refBands, $refBits) reference point; raise maxBands to hold it")
      (math.min(maxBands, wantedBands), bits)
    }
  }
}
